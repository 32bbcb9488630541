"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract / resize / frame-sample stages.

The Spark-side plumbing (schemas, Arrow batching, the mapInArrow
payload-stage shell ``kernel.map_rows``, partitioning) is real and
tested. Three codec backends:

- ``FakeDecodeBackend`` — deterministic sha256-derived pixels/samples;
  the no-dependency oracle twin (the driver queries' default, so the
  DuckDB hash rows are reproducible without any codec).
- ``PngDecodeBackend`` — REAL image decode in pure stdlib: PNG critical
  chunks, zlib inflate, all five scanline filters (None/Sub/Up/Average/
  Paeth), 8-bit gray / gray+alpha / RGB / RGBA / palette. Testable in
  this container (no third-party codec needed).
- ``PillowDecodeBackend`` — JPEG/GIF/anything Pillow reads, gated
  behind ``import PIL`` (tests skip when Pillow is absent).

``real_image_backend()`` picks Pillow when importable, else the
stdlib PNG decoder.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType,
    StructField, StructType,
)

from .kernel import map_rows

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("kind", StringType()),       # image | audio | video
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),
    StructField("width", IntegerType()),      # typed metadata (nullable)
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])

IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_luma", FloatType()),
    StructField("phash", StringType()),
])

FRAME_SAMPLE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_luma", FloatType()),
])

EMBED_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("embedding", ArrayType(FloatType())),
])


class DecodeBackend:
    """Codec interface. Real deployments subclass with Pillow/ffmpeg."""

    def decode_image(self, payload: bytes) -> tuple[int, int, list[float]]:
        """→ (width, height, row-major luma plane in [0,1])."""
        raise NotImplementedError("no image codec in this environment")

    def sample_frames(self, payload: bytes, n: int) -> list[list[float]]:
        raise NotImplementedError("no video codec in this environment")

    def decode_audio(self, payload: bytes) -> tuple[int, list[float]]:
        """→ (sample_rate, mono samples in [-1,1])."""
        raise NotImplementedError("no audio codec in this environment")


class FakeDecodeBackend(DecodeBackend):
    """Deterministic synthetic decode: pixels derived from sha256 of the
    payload. Keeps every Spark-side stage testable and reproducible."""

    def __init__(self, width: int = 8, height: int = 8):
        self.width = width
        self.height = height

    def _plane(self, payload: bytes, salt: bytes) -> list[float]:
        n = self.width * self.height
        out: list[float] = []
        counter = 0
        while len(out) < n:
            block = hashlib.sha256(salt + payload + counter.to_bytes(4, "big")).digest()
            out.extend(b / 255.0 for b in block)
            counter += 1
        return out[:n]

    def decode_image(self, payload: bytes) -> tuple[int, int, list[float]]:
        return self.width, self.height, self._plane(payload, b"img")

    def sample_frames(self, payload: bytes, n: int) -> list[list[float]]:
        return [self._plane(payload, b"frame%d" % i) for i in range(n)]

    def decode_audio(self, payload: bytes) -> tuple[int, list[float]]:
        samples = [(x * 2.0) - 1.0 for x in self._plane(payload, b"audio")]
        return 16000, samples


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit depth)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filtering (spec §9: None/Sub/Up/Average/
    Paeth). ``raw`` is the inflated IDAT stream: h rows of
    (1 filter byte + w*bpp samples)."""
    stride = w * bpp
    out = bytearray(h * stride)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        row = raw[pos:pos + stride]
        pos += stride
        base = y * stride
        prev = out[base - stride:base] if y else bytes(stride)
        if ftype == 0:  # None
            out[base:base + stride] = row
        elif ftype == 1:  # Sub
            for x in range(stride):
                left = out[base + x - bpp] if x >= bpp else 0
                out[base + x] = (row[x] + left) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                out[base + x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = out[base + x - bpp] if x >= bpp else 0
                out[base + x] = (row[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = out[base + x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out[base + x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {ftype}")
    return out


def decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """Minimal-but-real PNG decoder (pure stdlib): critical chunks,
    zlib inflate, scanline unfiltering, palette expansion. Supports
    8-bit depth, non-interlaced, color types 0/2/3/4/6.
    → (width, height, channels, row-major interleaved samples)."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("png: bad signature")
    pos = 8
    w = h = None
    color_type = bit_depth = interlace = 0
    idat = bytearray()
    plte: bytes | None = None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        pos += 12 + length  # skip CRC
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif ctype == b"PLTE":
            plte = bytes(data)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("png: missing IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in _PNG_CHANNELS:
        raise ValueError(
            f"png: unsupported (depth={bit_depth}, color={color_type}, "
            f"interlace={interlace}); use PillowDecodeBackend"
        )
    bpp = _PNG_CHANNELS[color_type]
    samples = _png_unfilter(zlib.decompress(bytes(idat)), w, h, bpp)
    if color_type == 3:  # palette → RGB
        if plte is None:
            raise ValueError("png: palette image without PLTE")
        rgb = bytearray(len(samples) * 3)
        for i, idx in enumerate(samples):
            rgb[i * 3:i * 3 + 3] = plte[idx * 3:idx * 3 + 3]
        return w, h, 3, rgb
    return w, h, bpp, samples


def encode_png(w: int, h: int, channels: int, samples: bytes,
               filter_type: int = 0) -> bytes:
    """Deterministic PNG writer (test/fixture twin of decode_png):
    8-bit gray(1)/RGB(3)/RGBA(4), one filter type for every scanline."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = w * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = samples[y * stride:(y + 1) * stride]
        raw.append(filter_type)
        if filter_type == 0:
            raw.extend(row)
        elif filter_type == 1:
            raw.extend((row[x] - (row[x - channels] if x >= channels else 0))
                       & 0xFF for x in range(stride))
        elif filter_type == 2:
            raw.extend((row[x] - prev[x]) & 0xFF for x in range(stride))
        elif filter_type == 3:
            raw.extend((row[x] - ((row[x - channels] if x >= channels else 0)
                                  + prev[x]) // 2) & 0xFF
                       for x in range(stride))
        elif filter_type == 4:
            out_row = bytearray()
            for x in range(stride):
                a = row[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                out_row.append((row[x] - pred) & 0xFF)
            raw.extend(out_row)
        else:
            raise ValueError(f"png: unknown filter type {filter_type}")
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b""))


def _luma_plane(w: int, h: int, channels: int, samples: bytes) -> list[float]:
    """Interleaved 8-bit samples → row-major Rec.601 luma in [0,1]
    (gray passthrough; alpha ignored)."""
    if channels in (1, 2):
        return [samples[i * channels] / 255.0 for i in range(w * h)]
    return [
        (0.299 * samples[i * channels]
         + 0.587 * samples[i * channels + 1]
         + 0.114 * samples[i * channels + 2]) / 255.0
        for i in range(w * h)
    ]


class PngDecodeBackend(DecodeBackend):
    """Real PNG decode with no third-party dependency (see decode_png).
    Frame sampling treats the payload as a single still (n copies) —
    video needs PillowDecodeBackend or an ffmpeg-backed subclass."""

    def decode_image(self, payload: bytes) -> tuple[int, int, list[float]]:
        w, h, channels, samples = decode_png(payload)
        return w, h, _luma_plane(w, h, channels, samples)

    def sample_frames(self, payload: bytes, n: int) -> list[list[float]]:
        _w, _h, channels, samples = decode_png(payload)
        plane = _luma_plane(_w, _h, channels, samples)
        return [list(plane) for _ in range(n)]


class PillowDecodeBackend(DecodeBackend):
    """Pillow-backed decode for JPEG/GIF/WebP/…; raises ImportError at
    construction when Pillow is not installed (callers gate on that —
    the test suite skips via pytest.importorskip)."""

    def __init__(self):
        from PIL import Image  # noqa: F401 — availability probe

        self._Image = Image

    def decode_image(self, payload: bytes) -> tuple[int, int, list[float]]:
        import io

        img = self._Image.open(io.BytesIO(payload)).convert("L")
        w, h = img.size
        return w, h, [p / 255.0 for p in img.getdata()]

    def sample_frames(self, payload: bytes, n: int) -> list[list[float]]:
        import io

        img = self._Image.open(io.BytesIO(payload))
        total = getattr(img, "n_frames", 1)
        frames = []
        for i in range(n):
            img.seek(min(i * total // max(n, 1), total - 1))
            gray = img.convert("L")
            frames.append([p / 255.0 for p in gray.getdata()])
        return frames


def real_image_backend() -> DecodeBackend:
    """The best available REAL codec: Pillow when importable, else the
    stdlib PNG decoder. (Driver queries keep FakeDecodeBackend so the
    DuckDB oracle rows stay reproducible with no codec installed.)"""
    try:
        return PillowDecodeBackend()
    except ImportError:
        return PngDecodeBackend()


def _avg_pool(plane: list[float], w: int, h: int, ow: int, oh: int) -> list[float]:
    """Box-filter resize of a row-major plane (pure Python, deterministic)."""
    out = []
    for oy in range(oh):
        y0, y1 = oy * h // oh, max((oy + 1) * h // oh, oy * h // oh + 1)
        for ox in range(ow):
            x0, x1 = ox * w // ow, max((ox + 1) * w // ow, ox * w // ow + 1)
            acc = 0.0
            cnt = 0
            for y in range(y0, y1):
                row = y * w
                for x in range(x0, x1):
                    acc += plane[row + x]
                    cnt += 1
            out.append(acc / cnt)
    return out


def _map_kind(df: DataFrame, kind: str, schema: StructType, fn) -> DataFrame:
    """Per-row stage over the ``kind`` payloads of a media table: rows
    of another kind or with a null payload are skipped, and
    ``fn(media_id, payload_bytes)`` yields the output tuples."""

    def rows(media_id, row_kind, payload):
        return fn(media_id, payload) if row_kind == kind and payload is not None else ()

    return map_rows(df, ["media_id", "kind", "payload"], schema, rows)


def image_features(df: DataFrame, backend: DecodeBackend | None = None) -> DataFrame:
    """Decode → luma stats + 64-bit perceptual hash (8×8 avg-pool,
    threshold at mean). mapInArrow: one Arrow batch of payloads at a
    time; binary stays off the driver."""
    backend = backend or FakeDecodeBackend()

    def features(media_id, payload):
        try:
            w, h, plane = backend.decode_image(payload)
        except Exception:
            return  # corrupt payload must never kill the batch
        pooled = _avg_pool(plane, w, h, 8, 8)
        mean = sum(pooled) / len(pooled)
        bits = "".join("1" if p > mean else "0" for p in pooled)
        yield media_id, w, h, float(mean), f"{int(bits, 2):016x}"

    return _map_kind(df, "image", IMAGE_FEATURES_SCHEMA, features)


def resize_images(df: DataFrame, out_w: int, out_h: int,
                  backend: DecodeBackend | None = None) -> DataFrame:
    """Decode → box resize → re-emit as embedding-like float plane."""
    backend = backend or FakeDecodeBackend()

    def resized(media_id, payload):
        try:
            w, h, plane = backend.decode_image(payload)
        except Exception:
            return  # corrupt payload must never kill the batch
        yield media_id, [float(x) for x in _avg_pool(plane, w, h, out_w, out_h)]

    return _map_kind(df, "image", EMBED_SCHEMA, resized)


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("rms", FloatType()),
    StructField("peak", FloatType()),
])


def audio_features(df: DataFrame, backend: DecodeBackend | None = None) -> DataFrame:
    """Decode audio → sample-rate / RMS / peak features (stub decode,
    real Spark plumbing)."""
    backend = backend or FakeDecodeBackend()

    def features(media_id, payload):
        try:
            rate, samples = backend.decode_audio(payload)
        except Exception:
            return  # corrupt payload must never kill the batch
        rms = math.sqrt(sum(s * s for s in samples) / len(samples)) if samples else 0.0
        peak = max((abs(s) for s in samples), default=0.0)
        yield media_id, rate, len(samples), float(rms), float(peak)

    return _map_kind(df, "audio", AUDIO_FEATURES_SCHEMA, features)


EXACT_IMAGE_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sum_luma", IntegerType()),
    StructField("phash", StringType()),
])

EXACT_FRAME_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_sum", IntegerType()),
])


def _exact_plane(payload: bytes, salt: str, n_bytes: int = 64) -> list[int]:
    """Deterministic synthetic 'decode': byte plane from chained sha256
    of '<salt><i>:' + payload. Integer-exact by construction so a SQL
    oracle can reproduce it bit-for-bit (no float rounding anywhere)."""
    out: list[int] = []
    i = 0
    while len(out) < n_bytes:
        out.extend(hashlib.sha256(f"{salt}{i}:".encode() + payload).digest())
        i += 1
    return out[:n_bytes]


def image_features_exact(df: DataFrame) -> DataFrame:
    """Integer-exact image features over the stub decode: 8×8 luma-byte
    plane → sum_luma and a 64-bit perceptual hash with the integer
    threshold rule bit_i = (b_i * 64 > Σb) — equivalent to
    (b_i/255 > mean) but free of float ties, so Spark and the DuckDB
    oracle agree bit-for-bit. Same mapInArrow plumbing as the float
    pipeline (binary never on the driver)."""

    def features(media_id, payload):
        plane = _exact_plane(payload, "img")
        total = sum(plane)
        bits = "".join("1" if b * 64 > total else "0" for b in plane)
        yield media_id, 8, 8, total, f"{int(bits, 2):016x}"

    return _map_kind(df, "image", EXACT_IMAGE_SCHEMA, features)


def video_frame_sums_exact(df: DataFrame, n_frames: int = 3) -> DataFrame:
    """Integer-exact frame sampling: per sampled frame, the sum of its
    32-byte synthetic luma block (one row per frame — the explode shape
    of real frame sampling, with oracle-reproducible values)."""

    def frames(media_id, payload):
        for idx in range(n_frames):
            yield media_id, idx, sum(hashlib.sha256(f"vid{idx}:".encode() + payload).digest())

    return _map_kind(df, "video", EXACT_FRAME_SCHEMA, frames)


def sample_video_frames(df: DataFrame, n_frames: int = 3,
                        backend: DecodeBackend | None = None) -> DataFrame:
    """Frame-sample videos → per-frame mean luma rows (explode shape)."""
    backend = backend or FakeDecodeBackend()

    def frames(media_id, payload):
        try:
            sampled = backend.sample_frames(payload, n_frames)
        except Exception:
            return  # corrupt payload must never kill the batch
        for idx, frame in enumerate(sampled):
            yield media_id, idx, float(sum(frame) / len(frame))

    return _map_kind(df, "video", FRAME_SAMPLE_SCHEMA, frames)
