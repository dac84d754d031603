"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schemas, batch iteration, partition sizing, UDF
signatures) is real and tested.  Codecs: PNG (stdlib zlib inflate + the
five scanline filters), uncompressed 24-bit BMP, and RIFF/PCM16 WAV are
decoded FOR REAL in pure stdlib+numpy; `_default_decode` signature-sniffs
payloads and only falls back to the deterministic fake (`_fake_decode`)
for formats this container has no library for (JPEG, MP4, ...).  Swap in
Pillow/librosa by calling :func:`register_decoder`.

Design points for 100 TB of media:
- `mapInPandas` (Arrow batches) so each Python worker sees columnar chunks,
  never row-at-a-time;
- binary payloads stay opaque until the last moment (parquet reads prune to
  the metadata columns unless features are requested);
- feature outputs are fixed-width arrays → columnar, joinable with the
  embedding similarity operators.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import _ordered_matmul

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 32

_DECODER: Optional[Callable[[bytes, str], np.ndarray]] = None


def register_decoder(fn: Callable[[bytes, str], np.ndarray]) -> None:
    """Install a real decoder: fn(payload, mime) -> float32[FEATURE_DIM]."""
    global _DECODER
    _DECODER = fn


def _fake_decode(payload: bytes, mime: str) -> np.ndarray:
    """Deterministic stand-in for decode+feature-extract: hash the payload
    into a unit-norm pseudo-embedding.  Keeps every downstream op testable."""
    h = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32).astype(np.float64)
    v = (raw / np.float64(2**32)) - 0.5
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


def extract_features(df: DataFrame, payload_col: str = "payload",
                     mime_col: str = "mime",
                     id_col: str = "media_id") -> DataFrame:
    """media → (media_id, feature: array<float>) via Arrow-batched UDF."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = _DECODER or _default_decode
        for b in batches:
            feats = [
                decode(p if p is not None else b"", m).tolist()
                for p, m in zip(b[payload_col], b[mime_col])
            ]
            yield pd.DataFrame({"media_id": b[id_col], "feature": feats})

    return df.select(id_col, payload_col, mime_col).mapInPandas(run, out_schema)


_RESIZER: Optional[Callable[[bytes, str, int, int], bytes]] = None


def register_resizer(fn: Callable[[bytes, str, int, int], bytes]) -> None:
    """Install a real image resizer: fn(payload, mime, w, h) -> payload."""
    global _RESIZER
    _RESIZER = fn


def _fake_resize(payload: bytes, mime: str, w: int, h: int) -> bytes:
    """Deterministic stand-in (no codecs in this sandbox): tag + truncate
    proportionally to the pixel-count ratio, so output sizes behave like a
    real re-encode and the Spark plumbing (schema, batch shape,
    partition-parallel Arrow exchange) is exercised for real."""
    header = f"resized:{w}x{h}:".encode()
    keep = max(1, min(len(payload), (len(payload) * w * h) // max(1, 1 << 20)))
    return header + (payload or b"")[:keep]


def resize_media(df: DataFrame, width: int, height: int,
                 payload_col: str = "payload", mime_col: str = "mime",
                 id_col: str = "media_id") -> DataFrame:
    """media → (media_id, payload: binary, width, height) resized via
    Arrow-batched mapInPandas.  The default sniffs PNG/JPEG/BMP and
    resamples for REAL (_default_resize, PNG output); unparseable
    payloads fall back to the deterministic fake; register_resizer
    swaps in an external codec."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resize = _RESIZER or _default_resize
        for b in batches:
            out = [
                resize(p if p is not None else b"", m, width, height)
                for p, m in zip(b[payload_col], b[mime_col])
            ]
            yield pd.DataFrame({
                "media_id": b[id_col],
                "payload": out,
                "width": [width] * len(b),
                "height": [height] * len(b),
            })

    return df.select(id_col, payload_col, mime_col).mapInPandas(
        run, out_schema)


# ---------------------------------------------------------------------------
# Real codec: uncompressed 24-bit BMP (pure numpy — no image libraries)
# ---------------------------------------------------------------------------
#
# The one format this sandbox can decode for real: BITMAPFILEHEADER +
# BITMAPINFOHEADER, BI_RGB, 24bpp, bottom-up rows, 4-byte row padding.
# Registered through the same `register_decoder` seam a Pillow-backed
# deployment would use, so one oracled query exercises a NON-fake decode
# end-to-end (encode → real byte format → decode → integer features the
# oracle re-derives with closed-form integer math).

import struct as _struct


def encode_bmp(pixels: np.ndarray) -> bytes:
    """uint8[h, w, 3] RGB → uncompressed 24-bit BMP bytes."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("encode_bmp needs uint8[h, w, 3]")
    h, w, _ = pixels.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    pad = b"\x00" * (row_size - w * 3)
    # bottom-up row order, BGR channel order — the classic BMP layout
    body = b"".join(
        pixels[y, :, ::-1].tobytes() + pad for y in range(h - 1, -1, -1)
    )
    header = _struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                        2835, 2835, 0, 0)
    return header + info + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP bytes → uint8[h, w, 3] RGB."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = _struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = _struct.unpack_from("<ii", payload, 18)
    bpp = _struct.unpack_from("<H", payload, 28)[0]
    comp = _struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    top_down = h_signed < 0
    h = abs(h_signed)
    row_size = (w * 3 + 3) & ~3
    if offset + row_size * h > len(payload):
        raise ValueError("truncated BMP body")
    arr = np.frombuffer(payload, np.uint8, count=row_size * h, offset=offset)
    arr = arr.reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)[..., ::-1]
    if not top_down:
        arr = arr[::-1]
    return np.ascontiguousarray(arr)


def bmp_unit_features(payload: bytes, mime: str) -> np.ndarray:
    """A REAL registered decoder (see register_decoder): decode the BMP,
    take a FEATURE_DIM-bin intensity histogram, L2-normalize."""
    px = decode_bmp(payload)
    hist = np.bincount(
        (px.reshape(-1).astype(np.int64) * FEATURE_DIM) // 256,
        minlength=FEATURE_DIM)[:FEATURE_DIM].astype(np.float64)
    n = np.linalg.norm(hist)
    return (hist / n if n > 0 else hist).astype(np.float32)


def bmp_pixel_stats(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id") -> DataFrame:
    """Integer pixel statistics through the REAL BMP decode, Arrow-batched.

    Output per row: (media_id, width, height, sum_all, n_bright,
    pos_checksum) — pos_checksum is Σ flat_index·value over the decoded
    (row-major y, x, channel) order, so a decoder that mis-handles
    bottom-up rows, BGR order or row padding produces a different value
    even when the permutation-invariant sums agree.  All integers → the
    DuckDB oracle re-derives them exactly.
    """
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_all", T.LongType()),
        T.StructField("n_bright", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                px = decode_bmp(bytes(p))
                h, w, _ = px.shape
                flat = px.reshape(-1).astype(np.int64)
                idx = idx_cache.get(flat.size)
                if idx is None:
                    idx = np.arange(flat.size, dtype=np.int64)
                    idx_cache[flat.size] = idx
                rows.append((int(mid), w, h, int(flat.sum()),
                             int((flat >= 128).sum()),
                             int((idx * flat).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "sum_all", "n_bright",
                "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real codec #2: WAV (RIFF header + 16-bit PCM — pure struct/numpy)
# ---------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16[n] mono PCM → RIFF/WAVE bytes (fmt chunk + data chunk)."""
    if samples.dtype != np.int16 or samples.ndim != 1:
        raise ValueError("encode_wav needs int16[n] mono")
    data = samples.tobytes()  # little-endian on all supported platforms
    fmt = _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    out = (b"RIFF" + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE"
           + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
           + b"data" + _struct.pack("<I", len(data)) + data)
    return out


def decode_wav(payload: bytes):
    """RIFF/WAVE bytes → (sample_rate, int16[n]).  PCM16 mono/stereo
    only; walks the chunk list (extra chunks like LIST are skipped, as a
    real reader must)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        ln = _struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = _struct.unpack_from(
                "<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM supported")
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # RIFF chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    if channels and channels > 1:
        samples = samples.reshape(-1, channels)
    return rate, samples


def wav_sample_stats(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Integer PCM statistics through the REAL WAV decode, Arrow-batched:
    (media_id, rate, n_samples, sum_s, n_pos, pos_checksum) — the audio
    sibling of :func:`bmp_pixel_stats`, with the same position-weighted
    checksum discipline (byte-order or chunk-walk bugs break the hash)."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_s", T.LongType()),
        T.StructField("n_pos", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                rate, s = decode_wav(bytes(p))
                s = s.reshape(-1).astype(np.int64)
                idx = idx_cache.get(s.size)
                if idx is None:
                    idx = np.arange(s.size, dtype=np.int64)
                    idx_cache[s.size] = idx
                rows.append((int(mid), rate, s.size, int(s.sum()),
                             int((s > 0).sum()), int((idx * s).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "rate", "n_samples", "sum_s", "n_pos",
                "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real codec #3: PNG (pure stdlib zlib + numpy — no image libraries)
# ---------------------------------------------------------------------------
#
# PNG is the one *compressed* crawl image format this sandbox can decode
# for real: the DEFLATE stream is stdlib `zlib`, and the rest is chunk
# parsing (CRC-verified) plus the five scanline filters.  Scope: 8-bit
# depth, color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA),
# non-interlaced — the overwhelmingly common subset.  The encoder cycles
# filter types per row (y % 5), so a round-trip exercises every unfilter
# algorithm, and `_default_decode` signature-sniffs payloads so a real
# PNG never reaches the fake decoder.

import zlib as _zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
_PNG_CTYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (_struct.pack(">I", len(data)) + typ + data
            + _struct.pack(">I", _zlib.crc32(typ + data) & 0xFFFFFFFF))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, elementwise over int16 arrays (PNG spec 9.4)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray, filter_mode: str = "cycle") -> bytes:
    """uint8[h, w] / [h, w, c] (c ∈ 1..4) → PNG bytes.

    ``filter_mode="cycle"`` picks scanline filter y % 5 so all five
    filter types appear in any image with ≥5 rows; ``"none"`` emits
    filter 0 everywhere.  Filtering is vectorized per row (the encoder
    predicts from ORIGINAL pixels, which decode reconstructs exactly).
    """
    if pixels.dtype != np.uint8 or pixels.ndim not in (2, 3):
        raise ValueError("encode_png needs uint8[h, w(, c)]")
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    if c not in _PNG_CTYPE:
        raise ValueError("1..4 channels only")
    zero = np.zeros((1, c), np.int16)
    raw = pixels.astype(np.int16)
    prev = np.zeros((w, c), np.int16)
    out = bytearray()
    for y in range(h):
        row = raw[y]
        f = y % 5 if filter_mode == "cycle" else 0
        left = np.vstack([zero, row[:-1]])
        upleft = np.vstack([zero, prev[:-1]])
        if f == 0:
            filt = row
        elif f == 1:
            filt = row - left
        elif f == 2:
            filt = row - prev
        elif f == 3:
            filt = row - ((left + prev) >> 1)
        else:
            filt = row - _paeth(left, prev, upleft)
        out.append(f)
        out += (filt & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, _PNG_CTYPE[c], 0, 0, 0)
    return (PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", _zlib.compress(bytes(out), 6))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → uint8[h, w, c].  Chunk CRCs are verified, IDAT may be
    split across chunks, ancillary chunks are skipped — the walk a real
    reader must do.  Unfiltering: None/Up vectorize whole-row; Sub/
    Average/Paeth are inherently sequential in x (each pixel depends on
    the reconstructed left neighbour) and loop per pixel, vectorized
    over channels."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, plte, trns = 8, None, bytearray(), None, None
    while pos + 12 <= len(payload):
        ln, typ = _struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + ln]
        (crc,) = _struct.unpack_from(">I", payload, pos + 8 + ln)
        if _zlib.crc32(typ + body) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if typ == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", body)
        elif typ == b"IDAT":
            idat += body
        elif typ == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif typ == b"tRNS":
            trns = np.frombuffer(body, np.uint8)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w, h, depth, ctype, comp, fmethod, interlace = ihdr
    if depth != 8 or comp != 0 or fmethod != 0 or interlace != 0:
        raise ValueError("only 8-bit non-interlaced PNG supported")
    c = 1 if ctype == 3 else _PNG_CHANNELS.get(ctype)
    if c is None:
        raise ValueError(f"unsupported color type {ctype}")
    if ctype == 3 and plte is None:
        raise ValueError("palette image missing PLTE chunk")
    raw = _zlib.decompress(bytes(idat))
    stride = w * c
    if len(raw) != (stride + 1) * h:
        raise ValueError("truncated PNG pixel data")
    raw = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = raw[:, 0]
    rows = raw[:, 1:].astype(np.int16).reshape(h, w, c)
    out = np.zeros((h, w, c), np.int16)
    prev = np.zeros((w, c), np.int16)
    for y in range(h):
        f, row = int(ftypes[y]), rows[y]
        if f == 0:
            rec = row.copy()
        elif f == 1:
            # Sub: rec[x] = (row[x] + rec[x-1]) & 0xFF is a running sum
            # mod 256 — the mask commutes with addition, so one cumsum
            # + mask reproduces the sequential recurrence exactly
            rec = (np.cumsum(row.astype(np.int64), axis=0)
                   & 0xFF).astype(np.int16)
        elif f == 2:
            rec = (row + prev) & 0xFF
        elif f in (3, 4):
            # left-neighbour dependency is inherently sequential in x;
            # plain-int inner loop (per-pixel numpy indexing is ~10x
            # slower than Python-int arithmetic at this width)
            row_l = row.tolist()
            prev_l = prev.tolist()
            rec_l = []
            left = [0] * c
            for x in range(w):
                rx, up = row_l[x], prev_l[x]
                if f == 3:
                    left = [(rx[j] + ((left[j] + up[j]) >> 1)) & 0xFF
                            for j in range(c)]
                else:
                    ul = prev_l[x - 1] if x else [0] * c
                    nxt = []
                    for j in range(c):
                        a_, b_, c_ = left[j], up[j], ul[j]
                        pa = abs(b_ - c_)
                        pb = abs(a_ - c_)
                        pc = abs(a_ + b_ - 2 * c_)
                        pred = (a_ if pa <= pb and pa <= pc
                                else (b_ if pb <= pc else c_))
                        nxt.append((rx[j] + pred) & 0xFF)
                    left = nxt
                rec_l.append(left)
            rec = np.asarray(rec_l, np.int16)
        else:
            raise ValueError(f"bad filter type {f}")
        out[y] = rec
        prev = rec
    out8 = out.astype(np.uint8)
    if ctype == 3:
        idx = out8[:, :, 0]
        if idx.max() >= len(plte):
            raise ValueError("palette index out of range")
        rgb = plte[idx]
        if trns is not None:
            alpha = np.full(len(plte), 255, np.uint8)
            alpha[: len(trns)] = trns
            return np.ascontiguousarray(
                np.dstack([rgb, alpha[idx]]))
        return np.ascontiguousarray(rgb)
    return out8


def png_unit_features(payload: bytes, mime: str) -> np.ndarray:
    """A REAL registered decoder for PNG payloads: decode, histogram the
    intensities into FEATURE_DIM bins, L2-normalize (the PNG sibling of
    :func:`bmp_unit_features`)."""
    px = decode_png(payload)
    hist = np.bincount(
        (px.reshape(-1).astype(np.int64) * FEATURE_DIM) // 256,
        minlength=FEATURE_DIM)[:FEATURE_DIM].astype(np.float64)
    n = np.linalg.norm(hist)
    return (hist / n if n > 0 else hist).astype(np.float32)


def _default_decode(payload: bytes, mime: str) -> np.ndarray:
    """Signature-sniffing default decoder: REAL codecs for the formats
    this sandbox can decode without external libs (PNG, BMP, WAV); the
    deterministic fake only for payloads no real reader could parse.
    A genuine image/png payload therefore never reaches the fake path."""
    if payload[:8] == PNG_SIG:
        return png_unit_features(payload, mime)
    if payload[:2] == b"BM":
        return bmp_unit_features(payload, mime)
    if payload[:2] == b"\xff\xd8":
        return jpeg_unit_features(payload, mime)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        rate, s = decode_wav(payload)
        s = s.reshape(-1).astype(np.int64)
        hist = np.bincount(
            ((s + 32768) * FEATURE_DIM) // 65536,
            minlength=FEATURE_DIM)[:FEATURE_DIM].astype(np.float64)
        n = np.linalg.norm(hist)
        return (hist / n if n > 0 else hist).astype(np.float32)
    return _fake_decode(payload, mime)


def png_pixel_stats(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id") -> DataFrame:
    """Integer pixel statistics through the REAL PNG decode (inflate +
    CRC + unfilter), Arrow-batched: (media_id, width, height, channels,
    sum_all, n_bright, pos_checksum) — pos_checksum is Σ flat_index·value
    over the decoded (y, x, channel) order, so filter-type or channel
    mistakes break the hash even when the sums agree."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sum_all", T.LongType()),
        T.StructField("n_bright", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                px = decode_png(bytes(p))
                h, w, c = px.shape
                flat = px.reshape(-1).astype(np.int64)
                idx = idx_cache.get(flat.size)
                if idx is None:
                    idx = np.arange(flat.size, dtype=np.int64)
                    idx_cache[flat.size] = idx
                rows.append((int(mid), w, h, c, int(flat.sum()),
                             int((flat >= 128).sum()),
                             int((idx * flat).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "channels", "sum_all",
                "n_bright", "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media_id, frame_ts_ms).

    The expansion is pure Catalyst (sequence + explode); actual frame decode
    is the registered decoder's job."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                           F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Typed-metadata profile per kind — prunes payload at the scan."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
        F.avg("duration_ms").alias("avg_duration_ms"),
        F.sum(F.octet_length("payload")).alias("total_bytes"),
    )


def synthetic_media_df(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests (payload = seeded bytes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        mimes = {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}
        for b in batches:
            ids = b["id"].to_numpy()
            rows = []
            for i in ids:
                k = kinds[int(i) % 3]
                payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * 4
                rows.append(
                    {
                        "media_id": int(i),
                        "kind": k,
                        "mime": mimes[k],
                        "payload": payload,
                        "width": 64 + int(i) % 512 if k == "image" else None,
                        "height": 64 + int(i * 7) % 512 if k == "image" else None,
                        "duration_ms": (1000 + int(i) % 9000)
                        if k != "image" else None,
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n_rows).mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Baseline JPEG codec (pure numpy).  REAL bitstream: SOI/DQT/SOF0/DHT/
# SOS/EOI markers, forward DCT + quantization, canonical Huffman coding
# with the tables CARRIED IN DHT (so the decoder reads whatever tables a
# file declares — any conforming baseline grayscale JPEG decodes, not
# just our encoder's output), 0xFF byte stuffing.  Scope: 8-bit
# GRAYSCALE baseline (one component, 1x1 sampling, no restart markers)
# — the JFIF structure is complete; chroma subsampling belongs to a
# Pillow-class library through `register_decoder`.
# ---------------------------------------------------------------------------

#: standard luminance quantization table (JPEG Annex K, public spec)
JPEG_QTABLE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99]], dtype=np.int64)


def _zigzag_order() -> np.ndarray:
    """(64, 2) (y, x) pairs in JPEG zigzag scan order."""
    out = []
    for s in range(15):
        ys = range(min(s, 7), max(0, s - 7) - 1, -1) if s % 2 == 0 \
            else range(max(0, s - 7), min(s, 7) + 1)
        out.extend((y, s - y) for y in ys)
    return np.array(out, dtype=np.int64)


_ZZ = _zigzag_order()

#: canonical Huffman tables we EMIT (any tables would do — they ride in
#: DHT): all 12 DC size symbols at code length 4; all AC symbols at code
#: length 8 — the 162 baseline run/size symbols plus the 14 EOBn symbols
#: (r<<4, s=0, r=1..14) progressive EOB runs need.  176 single-length
#: codes < 256 stay trivially prefix-free and canonical.
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 16
_AC_BITS[7] = 176
_AC_VALS = [0x00, 0xF0] + [(r << 4) | s
                           for r in range(16) for s in range(1, 11)] \
    + [r << 4 for r in range(1, 15)]


def _canonical_codes(bits, vals):
    """DHT (BITS, HUFFVAL) -> {symbol: (code, length)} (JPEG canonical)."""
    codes, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return codes


_DCT_M = None


def _dct_mat() -> np.ndarray:
    global _DCT_M
    if _DCT_M is None:
        k = np.arange(8, dtype=np.float64)
        M = 0.5 * np.cos((2 * k[None, :] + 1)
                         * np.arange(8, dtype=np.float64)[:, None]
                         * np.pi / 16)
        M[0] *= 1 / np.sqrt(2)
        _DCT_M = M
    return _DCT_M


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:          # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)   # 1-pad per spec
        return bytes(self.out)

    def restart(self, m: int) -> None:
        """Byte-align (1-padding) and emit RSTm — marker bytes bypass
        the stuffing in :meth:`put` (FF D0+m IS a marker)."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (m & 7)])


def _size_cat(v: int) -> int:
    return 0 if v == 0 else int(abs(v)).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") \
        + body


def _encode_block(w: "_BitWriter", z: np.ndarray,
                  prev_dc: int, dc_codes, ac_codes) -> int:
    """Huffman-code one block's PRE-QUANTIZED zigzag coefficients
    (int64[64], from :func:`_quantize_blocks`) into ``w``; returns the
    new DC predictor.  Taking coefficients rather than pixels makes the
    baseline and progressive encoders share the IDENTICAL quantizer by
    construction — a sequential ``M @ blk @ M.T`` and the vectorized
    einsum disagree on ~1.5% of random blocks at half-ulp rounding
    boundaries, which silently broke baseline==progressive equality."""
    diff = int(z[0]) - prev_dc
    s = _size_cat(diff)
    c, ln = dc_codes[s]
    w.put(c, ln)
    if s:
        w.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    # AC
    run = 0
    nz = np.nonzero(z[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    for i in range(1, last + 1):
        v = int(z[i])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_codes[0xF0]
            w.put(c, ln)
            run -= 16
        s = _size_cat(v)
        c, ln = ac_codes[(run << 4) | s]
        w.put(c, ln)
        w.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        c, ln = ac_codes[0x00]
        w.put(c, ln)                                    # EOB
    return int(z[0])


def encode_jpeg(pixels: np.ndarray,
                qtable: np.ndarray = JPEG_QTABLE) -> bytes:
    """Encode an (H, W) uint8 grayscale image (H, W multiples of 8) as a
    baseline JPEG."""
    px = np.asarray(pixels)
    if px.ndim != 2 or px.shape[0] % 8 or px.shape[1] % 8:
        raise ValueError("need (H, W) grayscale with 8-aligned dims")
    H, W = px.shape
    zz_y, zz_x = _ZZ[:, 0], _ZZ[:, 1]
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    head = bytearray(b"\xff\xd8")                       # SOI
    head += _seg(0xDB, bytes([0x00]) + bytes(
        qtable[zz_y, zz_x].astype(np.uint8)))           # DQT, table 0
    head += _seg(0xC0, bytes([8]) + H.to_bytes(2, "big")
                 + W.to_bytes(2, "big")
                 + bytes([1, 1, 0x11, 0]))              # SOF0, 1 comp
    head += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS)
                 + bytes(_DC_VALS))                     # DHT DC 0
    head += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS)
                 + bytes(_AC_VALS))                     # DHT AC 0
    head += _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))   # SOS

    w = _BitWriter()
    prev_dc = 0
    zs = _quantize_blocks(px.astype(np.float64),
                          qtable.astype(np.float64))
    for by in range(H // 8):
        for bx in range(W // 8):
            prev_dc = _encode_block(
                w, zs[by, bx], prev_dc, dc_codes, ac_codes)
    return bytes(head) + w.flush() + b"\xff\xd9"        # EOI


def encode_jpeg_ycbcr(y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                      subsampling: str = "420",
                      restart_interval: int = 0,
                      q_luma: np.ndarray = JPEG_QTABLE,
                      q_chroma: np.ndarray = JPEG_QTABLE) -> bytes:
    """Encode pre-separated YCbCr planes as a 3-component baseline JPEG.

    ``y`` is (H, W); ``cb``/``cr`` are ALREADY at their stored
    resolution — (H/2, W/2) for ``"420"`` (H, W multiples of 16),
    (H, W/2) for ``"422"`` (H mult. of 8, W of 16), or (H, W) for
    ``"444"`` (multiples of 8).  Planes may be float (the
    color path hands over un-rounded JFIF conversions) or uint8.
    ``restart_interval`` > 0 emits DRI + RSTn every that many MCUs with
    DC-predictor resets.  Both quant tables default to the Annex-K luma
    table (q00=16) so the block-constant-even-value exactness the
    grayscale closed form relies on holds for chroma too; pass the
    Annex-K chroma table for realistic compression instead.

    Scan structure: one interleaved scan, luma blocks raster-ordered
    within each MCU then Cb then Cr, all components on Huffman table 0
    (legal — SOS maps every component to DC0/AC0)."""
    y = np.asarray(y, dtype=np.float64)
    cb = np.asarray(cb, dtype=np.float64)
    cr = np.asarray(cr, dtype=np.float64)
    if subsampling == "420":
        hs = vs = 2
    elif subsampling == "422":
        hs, vs = 2, 1
    elif subsampling == "444":
        hs = vs = 1
    else:
        raise ValueError("subsampling must be '420', '422' or '444'")
    H, W = y.shape
    if H % (8 * vs) or W % (8 * hs):
        raise ValueError(f"dims must be multiples of {8 * hs} for "
                         f"{subsampling}")
    if cb.shape != (H // vs, W // hs) or cr.shape != cb.shape:
        raise ValueError("cb/cr must be at stored (subsampled) size")
    zz_y, zz_x = _ZZ[:, 0], _ZZ[:, 1]
    ql = q_luma.astype(np.float64)
    qc = q_chroma.astype(np.float64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    head = bytearray(b"\xff\xd8")
    head += _seg(0xDB, bytes([0x00]) + bytes(
        q_luma[zz_y, zz_x].astype(np.uint8)))           # DQT 0 (luma)
    head += _seg(0xDB, bytes([0x01]) + bytes(
        q_chroma[zz_y, zz_x].astype(np.uint8)))         # DQT 1 (chroma)
    head += _seg(0xC0, bytes([8]) + H.to_bytes(2, "big")
                 + W.to_bytes(2, "big")
                 + bytes([3,
                          1, (hs << 4) | vs, 0,         # Y
                          2, 0x11, 1,                   # Cb
                          3, 0x11, 1]))                 # Cr
    head += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS)
                 + bytes(_DC_VALS))
    head += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS)
                 + bytes(_AC_VALS))
    if restart_interval:
        head += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    head += _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))

    w = _BitWriter()
    zsy = _quantize_blocks(y, ql)
    zscb = _quantize_blocks(cb, qc)
    zscr = _quantize_blocks(cr, qc)
    mcus_y, mcus_x = H // (8 * vs), W // (8 * hs)
    prev = [0, 0, 0]
    mcu_i = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and \
                    mcu_i % restart_interval == 0:
                w.restart(rst)
                rst = (rst + 1) & 7
                prev = [0, 0, 0]
            for v in range(vs):
                for hh in range(hs):
                    by, bx = my * vs + v, mx * hs + hh
                    prev[0] = _encode_block(
                        w, zsy[by, bx], prev[0], dc_codes, ac_codes)
            prev[1] = _encode_block(
                w, zscb[my, mx], prev[1], dc_codes, ac_codes)
            prev[2] = _encode_block(
                w, zscr[my, mx], prev[2], dc_codes, ac_codes)
            mcu_i += 1
    return bytes(head) + w.flush() + b"\xff\xd9"


def _quantize_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Level-shift + DCT + quantize (half away from zero) every 8x8
    block of an 8-aligned float plane → int64 (bys, bxs, 64) zigzag
    coefficients — the shared coefficient form of the baseline and
    progressive encoders."""
    M = _dct_mat()
    H, W = plane.shape
    f = plane.astype(np.float64) - 128.0
    blks = f.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,kl->abil", M, blks, M.T) / q
    qc = (np.sign(coef) * np.floor(np.abs(coef) + 0.5)).astype(np.int64)
    return qc[:, :, _ZZ[:, 0], _ZZ[:, 1]]


def _put_eobrun(w, n: int, ac_codes) -> None:
    """Emit an EOB run of n blocks (n >= 1) as EOBn symbols."""
    while n > 0:
        rr = min(14, n.bit_length() - 1)
        run = min(n, (1 << rr) + ((1 << rr) - 1))
        run = min(run, n)
        extra = run - (1 << rr)
        c, ln = ac_codes[rr << 4]
        w.put(c, ln)
        if rr:
            w.put(extra, rr)
        n -= run


def encode_jpeg_progressive(y: np.ndarray, cb: np.ndarray,
                            cr: np.ndarray,
                            subsampling: str = "420",
                            q_luma: np.ndarray = JPEG_QTABLE,
                            q_chroma: np.ndarray = JPEG_QTABLE) -> bytes:
    """Encode YCbCr planes as a PROGRESSIVE (SOF2) JPEG with the
    canonical scan script families real encoders use: interleaved DC
    first pass at Al=1, DC refinement (Ah=1, Al=0), then per-component
    AC spectral bands 1-5 and 6-63 at Al=0 (EOB runs batch empty
    bands).  Quantized coefficients are IDENTICAL to the baseline
    encoder's (shared :func:`_quantize_blocks`), so a progressive
    round-trip must decode pixel-identical to the baseline round-trip
    of the same planes — the equivalence test the decoder is gated on.
    Same plane-shape contract as :func:`encode_jpeg_ycbcr`."""
    y = np.asarray(y, dtype=np.float64)
    cb = np.asarray(cb, dtype=np.float64)
    cr = np.asarray(cr, dtype=np.float64)
    if subsampling == "420":
        hs = vs = 2
    elif subsampling == "422":
        hs, vs = 2, 1
    elif subsampling == "444":
        hs = vs = 1
    else:
        raise ValueError("subsampling must be '420', '422' or '444'")
    H, W = y.shape
    if H % (8 * vs) or W % (8 * hs):
        raise ValueError(f"dims must be multiples of {8 * hs} for "
                         f"{subsampling}")
    if cb.shape != (H // vs, W // hs) or cr.shape != cb.shape:
        raise ValueError("cb/cr must be at stored (subsampled) size")
    zz_y, zz_x = _ZZ[:, 0], _ZZ[:, 1]
    ql = q_luma.astype(np.float64)
    qc = q_chroma.astype(np.float64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    coefs = [_quantize_blocks(y, ql), _quantize_blocks(cb, qc),
             _quantize_blocks(cr, qc)]
    samp = [(hs, vs), (1, 1), (1, 1)]

    head = bytearray(b"\xff\xd8")
    head += _seg(0xDB, bytes([0x00]) + bytes(
        q_luma[zz_y, zz_x].astype(np.uint8)))
    head += _seg(0xDB, bytes([0x01]) + bytes(
        q_chroma[zz_y, zz_x].astype(np.uint8)))
    head += _seg(0xC2, bytes([8]) + H.to_bytes(2, "big")
                 + W.to_bytes(2, "big")
                 + bytes([3,
                          1, (hs << 4) | vs, 0,
                          2, 0x11, 1,
                          3, 0x11, 1]))
    head += _seg(0xC4, bytes([0x00]) + bytes(_DC_BITS)
                 + bytes(_DC_VALS))
    head += _seg(0xC4, bytes([0x10]) + bytes(_AC_BITS)
                 + bytes(_AC_VALS))
    out = bytearray(head)

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    # scan 1: interleaved DC first, Al=1
    out += sos([1, 2, 3], 0, 0, 0, 1)
    w = _BitWriter()
    mcus_y, mcus_x = H // (8 * vs), W // (8 * hs)
    prev = [0, 0, 0]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(3):
                h, v = samp[ci]
                for bv in range(v):
                    for bh in range(h):
                        dc = int(coefs[ci][my * v + bv, mx * h + bh, 0])
                        t = dc >> 1          # arithmetic shift (floor)
                        diff = t - prev[ci]
                        prev[ci] = t
                        s = _size_cat(diff)
                        c, ln = dc_codes[s]
                        w.put(c, ln)
                        if s:
                            w.put(diff if diff >= 0
                                  else diff + (1 << s) - 1, s)
    out += w.flush()
    # scan 2: DC refinement, Ah=1 Al=0 — one raw bit per block
    out += sos([1, 2, 3], 0, 0, 1, 0)
    w = _BitWriter()
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(3):
                h, v = samp[ci]
                for bv in range(v):
                    for bh in range(h):
                        dc = int(coefs[ci][my * v + bv, mx * h + bh, 0])
                        w.put(dc & 1, 1)
    out += w.flush()
    # scans 3+: per-component AC spectral bands at Al=0
    for ci, cid in ((0, 1), (1, 2), (2, 3)):
        bys, bxs, _ = coefs[ci].shape
        for ss, se in ((1, 5), (6, 63)):
            out += sos([cid], ss, se, 0, 0)
            w = _BitWriter()
            eob_pending = 0
            for by in range(bys):
                for bx in range(bxs):
                    z = coefs[ci][by, bx]
                    nz = [k for k in range(ss, se + 1) if z[k]]
                    if not nz:
                        eob_pending += 1
                        # EOBn max run = 2^14 + (2^14 - 1)
                        if eob_pending == (1 << 14) + ((1 << 14) - 1):
                            _put_eobrun(w, eob_pending, ac_codes)
                            eob_pending = 0
                        continue
                    if eob_pending:
                        _put_eobrun(w, eob_pending, ac_codes)
                        eob_pending = 0
                    run = 0
                    k = ss
                    for k in range(ss, nz[-1] + 1):
                        v = int(z[k])
                        if v == 0:
                            run += 1
                            continue
                        while run >= 16:
                            c, ln = ac_codes[0xF0]
                            w.put(c, ln)
                            run -= 16
                        s = _size_cat(v)
                        c, ln = ac_codes[(run << 4) | s]
                        w.put(c, ln)
                        w.put(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
                    if nz[-1] < se:
                        eob_pending += 1
            if eob_pending:
                _put_eobrun(w, eob_pending, ac_codes)
            out += w.flush()
    return bytes(out) + b"\xff\xd9"


def rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    """JFIF full-range RGB -> YCbCr, float64 (H, W, 3), un-rounded."""
    f = np.asarray(rgb, dtype=np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    """JFIF full-range YCbCr -> RGB uint8 (rint + clip)."""
    f = np.asarray(ycc, dtype=np.float64)
    y, cb, cr = f[..., 0], f[..., 1] - 128.0, f[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)),
                   0, 255).astype(np.uint8)


def encode_jpeg_color(rgb: np.ndarray, subsampling: str = "420",
                      restart_interval: int = 0,
                      q_luma: np.ndarray = JPEG_QTABLE,
                      q_chroma: np.ndarray = JPEG_QTABLE) -> bytes:
    """Encode an (H, W, 3) uint8 RGB image as a 3-component baseline
    JPEG: JFIF color transform (kept as floats — the DCT quantizer is
    the only rounding step), 2x2 box-average chroma subsampling for
    ``"420"``, then :func:`encode_jpeg_ycbcr`."""
    px = np.asarray(rgb)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("need (H, W, 3) RGB")
    ycc = rgb_to_ycbcr(px)
    y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
    if subsampling == "420":
        H, W = y.shape
        if H % 16 or W % 16:
            raise ValueError("420 needs 16-aligned dims")
        cb = cb.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
        cr = cr.reshape(H // 2, 2, W // 2, 2).mean(axis=(1, 3))
    elif subsampling == "422":
        H, W = y.shape
        if H % 8 or W % 16:
            raise ValueError("422 needs 8/16-aligned dims")
        cb = cb.reshape(H, W // 2, 2).mean(axis=2)
        cr = cr.reshape(H, W // 2, 2).mean(axis=2)
    return encode_jpeg_ycbcr(y, cb, cr, subsampling, restart_interval,
                             q_luma, q_chroma)


class _BitReader:
    """Entropy-scan bit reader over the RAW (stuffed) stream: FF 00 is
    unstuffed on the fly, any other FF xx is a marker — the reader
    supplies zero padding instead of consuming it, so :meth:`restart`
    can byte-align and eat the RSTn exactly where the spec puts it."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            return 0
        b = d[self.pos]
        if b != 0xFF:
            self.pos += 1
            return b
        nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
        if nxt == 0x00:                 # stuffed data byte
            self.pos += 2
            return 0xFF
        return 0                        # marker ahead: zero-pad, hold pos

    def bits(self, k: int) -> int:
        while self.n < k:
            self.acc = (self.acc << 8) | self._byte()
            self.n += 8
        v = (self.acc >> (self.n - k)) & ((1 << k) - 1)
        self.n -= k
        self.acc &= (1 << self.n) - 1
        return v

    def restart(self) -> None:
        """Discard pad bits, consume the RSTn marker at the cursor."""
        self.acc = 0
        self.n = 0
        d = self.data
        if not (self.pos + 1 < len(d) and d[self.pos] == 0xFF
                and 0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos += 2

    def decode(self, table) -> int:
        mincode, maxcode, valptr, vals = table
        code = self.bits(1)
        for ln in range(1, 17):
            mx = maxcode[ln]
            if mx >= 0 and code <= mx:
                return vals[valptr[ln] + code - mincode[ln]]
            code = (code << 1) | self.bits(1)
        raise ValueError("invalid Huffman code")


def _decode_table(bits, vals):
    """DHT arrays -> (mincode, maxcode, valptr, vals) decoder tables
    (the F.16 canonical-decode structure from the JPEG spec)."""
    mincode = [0] * 17
    maxcode = [-1] * 17
    valptr = [0] * 17
    code, i = 0, 0
    for ln in range(1, 17):
        if bits[ln - 1]:
            valptr[ln] = i
            mincode[ln] = code
            code += bits[ln - 1]
            i += bits[ln - 1]
            maxcode[ln] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, list(vals)


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(r: "_BitReader", dc_t, ac_t, q: np.ndarray,
                  prev_dc: int, M: np.ndarray) -> tuple:
    """Huffman-decode + dequantize + IDCT one block; returns
    (8x8 float spatial block, new DC predictor)."""
    zz_y, zz_x = _ZZ[:, 0], _ZZ[:, 1]
    z = np.zeros(64, dtype=np.int64)
    s = r.decode(dc_t)
    diff = _extend(r.bits(s), s) if s else 0
    dc = prev_dc + diff
    z[0] = dc
    k = 1
    while k < 64:
        sym = r.decode(ac_t)
        if sym == 0x00:              # EOB
            break
        if sym == 0xF0:              # ZRL
            k += 16
            continue
        k += sym >> 4
        s = sym & 0x0F
        if k > 63:
            raise ValueError("AC index overflow")
        z[k] = _extend(r.bits(s), s)
        k += 1
    coef = np.zeros((8, 8), dtype=np.float64)
    coef[zz_y, zz_x] = z * q[zz_y, zz_x]
    return M.T @ coef @ M + 128.0, dc


def decode_jpeg_planes(payload: bytes):
    """Decode a baseline JPEG (SOF0, 1..3 components, arbitrary
    sampling factors up to 4, restart intervals, non-8-aligned dims) to
    its NATIVE component planes, before any chroma upsampling or color
    transform.

    Returns (planes, (H, W), samplings): one uint8 array per component
    at its stored resolution (``ceil(W*h/hmax)`` x ``ceil(H*v/vmax)``,
    edge padding cropped) plus the frame dims and per-component (h, v)
    factors.  The oracled closed-form query checksums these planes
    directly — plane decode is exact for block-constant even values
    under q00=16, while RGB conversion (:func:`decode_jpeg`) rounds.
    Progressive streams (SOF2) delegate to the multi-scan coefficient
    decoder (:func:`_decode_progressive_planes`); extended/lossless
    SOFs, arithmetic coding, 16-bit quant tables and >3 components
    (CMYK) are rejected."""
    data = payload
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qtables, htables = {}, {}
    H = W = None
    comps = []                # (cid, h, v, qsel)
    restart_interval = 0
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("EOI before SOS")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:   # TEM/RSTn: bare
            pos += 2
            continue
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            b = body
            while b:
                if b[0] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros((8, 8), dtype=np.int64)
                t[_ZZ[:, 0], _ZZ[:, 1]] = np.frombuffer(
                    b[1:65], dtype=np.uint8).astype(np.int64)
                qtables[b[0] & 0x0F] = t
                b = b[65:]
        elif marker == 0xC0 or marker == 0xC1:
            if body[0] != 8:
                raise ValueError("8-bit sample precision only")
            H = int.from_bytes(body[1:3], "big")
            W = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3):
                raise ValueError("1- or 3-component baseline only")
            comps = []
            for i in range(nc):
                cid = body[6 + 3 * i]
                hv = body[7 + 3 * i]
                comps.append([cid, hv >> 4, hv & 0x0F, body[8 + 3 * i]])
        elif marker == 0xC2:
            return _decode_progressive_planes(data)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "baseline (SOF0/1) or progressive (SOF2) only")
        elif marker == 0xC4:
            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                n = sum(bits)
                htables[(tc, th)] = _decode_table(bits, b[17:17 + n])
                b = b[17 + n:]
        elif marker == 0xDD:
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xDA:
            ns = body[0]
            if not comps or ns != len(comps):
                raise ValueError(
                    "single interleaved scan expected (no progressive/"
                    "multi-scan baseline)")
            tsel = {}
            for i in range(ns):
                cid = body[1 + 2 * i]
                tsel[cid] = (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
            break
    else:
        raise ValueError("no SOS")
    if H is None or H == 0 or W == 0:
        raise ValueError("no SOF before SOS")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not (1 <= hmax <= 4 and 1 <= vmax <= 4):
        raise ValueError("sampling factors must be 1..4")
    if data.find(b"\xff\xd9", pos) < 0:
        raise ValueError("no EOI")
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    M = _dct_mat()
    r = _BitReader(data, pos)
    planes = [np.zeros((mcus_y * v * 8, mcus_x * h * 8),
                       dtype=np.float64) for _, h, v, _ in comps]
    qs, dts, ats = [], [], []
    for cid, h, v, qsel in comps:
        qs.append(qtables[qsel].astype(np.float64))
        dc_s, ac_s = tsel[cid]
        dts.append(htables[(0, dc_s)])
        ats.append(htables[(1, ac_s)])
    prev = [0] * len(comps)
    single = len(comps) == 1
    if single:
        # non-interleaved single-component scan: MCU = one data unit
        mcus_x = -(-W // 8)
        mcus_y = -(-H // 8)
        planes = [np.zeros((mcus_y * 8, mcus_x * 8), dtype=np.float64)]
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and \
                    mcu_i % restart_interval == 0:
                r.restart()
                prev = [0] * len(comps)
            if single:
                blk, prev[0] = _decode_block(r, dts[0], ats[0], qs[0],
                                             prev[0], M)
                planes[0][my * 8:my * 8 + 8, mx * 8:mx * 8 + 8] = blk
            else:
                for ci, (_, h, v, _q) in enumerate(comps):
                    for bv in range(v):
                        for bh in range(h):
                            by, bx = my * v + bv, mx * h + bh
                            blk, prev[ci] = _decode_block(
                                r, dts[ci], ats[ci], qs[ci], prev[ci], M)
                            planes[ci][by * 8:by * 8 + 8,
                                       bx * 8:bx * 8 + 8] = blk
            mcu_i += 1
    out = []
    samplings = []
    for (cid, h, v, _q), p in zip(comps, planes):
        ch = -(-H * v // vmax) if not single else H
        cw = -(-W * h // hmax) if not single else W
        out.append(np.clip(np.rint(p[:ch, :cw]), 0, 255)
                   .astype(np.uint8))
        samplings.append((h, v))
    return out, (H, W), samplings


def _prog_dc_scan(r, coefs, scomps, comps, dims, mcus, ri, ah, al,
                  htables, tsel):
    """One progressive DC scan (ss=0): first pass (ah=0) Huffman-decodes
    DC diffs into ``coef[0] = v << al``; refinement (ah>0) appends one
    bit per block.  Interleaved over MCUs when the scan names several
    components; a single-component scan is non-interleaved and walks
    the component's OWN block grid (its MCU = one data unit)."""
    H, W = dims
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if len(scomps) == 1:
        ci = scomps[0]
        h, v = comps[ci][1], comps[ci][2]
        if len(comps) == 1:
            nby, nbx = -(-H // 8), -(-W // 8)
        else:
            ch = -(-H * v // vmax)
            cw = -(-W * h // hmax)
            nby, nbx = -(-ch // 8), -(-cw // 8)
        mcu_list = [[(ci, by, bx)]
                    for by in range(nby) for bx in range(nbx)]
    else:
        mcus_y, mcus_x = mcus
        mcu_list = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                units = []
                for ci in scomps:
                    h, v = comps[ci][1], comps[ci][2]
                    for bv in range(v):
                        for bh in range(h):
                            units.append((ci, my * v + bv, mx * h + bh))
                mcu_list.append(units)
    prev = {ci: 0 for ci in scomps}
    for mi, units in enumerate(mcu_list):
        if ri and mi and mi % ri == 0:
            r.restart()
            prev = {c: 0 for c in scomps}
        for (ci, by, bx) in units:
            blk = coefs[ci][by, bx]
            if ah == 0:
                dc_t = htables[(0, tsel[ci][0])]
                s = r.decode(dc_t)
                diff = _extend(r.bits(s), s) if s else 0
                prev[ci] += diff
                blk[0] = prev[ci] << al
            else:
                if r.bits(1):
                    blk[0] = int(blk[0]) | (1 << al)


def _prog_ac_first(r, coef_blocks, ac_t, ss, se, al, eob_run):
    """Progressive AC first pass (ah=0) over one component's blocks in
    raster order; returns the carried EOB run."""
    for blk in coef_blocks:
        if eob_run > 0:
            eob_run -= 1
            continue
        k = ss
        while k <= se:
            sym = r.decode(ac_t)
            rr, s = sym >> 4, sym & 0x0F
            if s == 0:
                if rr < 15:
                    eob_run = (1 << rr) - 1
                    if rr:
                        eob_run += r.bits(rr)
                    break
                k += 16                       # ZRL
                continue
            k += rr
            if k > se:
                raise ValueError("AC index overflow")
            blk[k] = _extend(r.bits(s), s) << al
            k += 1
    return eob_run


def _prog_ac_refine(r, coef_blocks, ac_t, ss, se, al, eob_run):
    """Progressive AC refinement (ah>0): the G.1.2.3 correction-bit
    walk — new ±1<<al coefficients are placed after skipping `rr`
    ZERO-history positions, and every already-nonzero coefficient
    passed on the way (and, under an EOB run, through the band's end)
    absorbs one correction bit."""
    p1 = 1 << al
    for blk in coef_blocks:
        k = ss
        if eob_run == 0:
            while k <= se:
                sym = r.decode(ac_t)
                rr, s = sym >> 4, sym & 0x0F
                val = 0
                if s == 0:
                    if rr < 15:
                        eob_run = 1 << rr
                        if rr:
                            eob_run += r.bits(rr)
                        break
                    # rr == 15: ZRL — skip 16 zero-history coefficients
                else:
                    val = p1 if r.bits(1) else -p1
                while k <= se:
                    c = int(blk[k])
                    if c != 0:
                        if r.bits(1) and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else -p1)
                    else:
                        if rr == 0:
                            break
                        rr -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eob_run > 0:
            while k <= se:
                c = int(blk[k])
                if c != 0 and r.bits(1) and (c & p1) == 0:
                    blk[k] = c + (p1 if c >= 0 else -p1)
                k += 1
            eob_run -= 1
    return eob_run


def _decode_progressive_planes(data: bytes):
    """Multi-scan progressive (SOF2, Huffman) decode to native planes —
    same return contract as :func:`decode_jpeg_planes`.

    Coefficients accumulate across scans in zigzag order (DC first +
    refinement bits, AC spectral bands with EOB runs + the correction-
    bit refinement walk); dequantize + IDCT run ONCE at EOI as a single
    einsum over every block per component.  Huffman tables may be
    redefined between scans (the stream is walked in order).  Restart
    markers reset predictors and the EOB run."""
    qtables, htables = {}, {}
    H = W = None
    comps = []        # per comp: [cid, h, v, qsel, bys, bxs]
    coefs = []        # per comp: int64 (bys, bxs, 64) zigzag coefficients
    mcus = (0, 0)
    restart_interval = 0
    pos = 2
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        ln = int.from_bytes(data[pos + 2:pos + 4], "big")
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            b = body
            while b:
                if b[0] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                t = np.zeros((8, 8), dtype=np.int64)
                t[_ZZ[:, 0], _ZZ[:, 1]] = np.frombuffer(
                    b[1:65], dtype=np.uint8).astype(np.int64)
                qtables[b[0] & 0x0F] = t
                b = b[65:]
        elif marker == 0xC4:
            b = body
            while b:
                tc, th = b[0] >> 4, b[0] & 0x0F
                bits = list(b[1:17])
                n = sum(bits)
                htables[(tc, th)] = _decode_table(bits, b[17:17 + n])
                b = b[17 + n:]
        elif marker == 0xDD:
            restart_interval = int.from_bytes(body[:2], "big")
        elif marker == 0xC2:
            if body[0] != 8:
                raise ValueError("8-bit sample precision only")
            H = int.from_bytes(body[1:3], "big")
            W = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if nc not in (1, 3):
                raise ValueError("1- or 3-component progressive only")
            hmax = max(body[7 + 3 * i] >> 4 for i in range(nc))
            vmax = max(body[7 + 3 * i] & 0x0F for i in range(nc))
            mcus = (-(-H // (8 * vmax)), -(-W // (8 * hmax)))
            for i in range(nc):
                cid = body[6 + 3 * i]
                h, v = body[7 + 3 * i] >> 4, body[7 + 3 * i] & 0x0F
                if nc == 1:
                    bys, bxs = -(-H // 8), -(-W // 8)
                    h = v = 1
                else:
                    bys, bxs = mcus[0] * v, mcus[1] * h
                comps.append([cid, h, v, body[8 + 3 * i], bys, bxs])
                coefs.append(np.zeros((bys, bxs, 64), dtype=np.int64))
        elif marker == 0xDA:
            if H is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scomps, tsel = [], {}
            for i in range(ns):
                cid = body[1 + 2 * i]
                ci = next(j for j, c in enumerate(comps) if c[0] == cid)
                scomps.append(ci)
                tsel[ci] = (body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            r = _BitReader(data, pos)
            if ss == 0:
                if se != 0:
                    raise ValueError("DC scan must have se=0")
                _prog_dc_scan(r, coefs, scomps, comps, (H, W), mcus,
                              restart_interval, ah, al, htables, tsel)
            else:
                if ns != 1:
                    raise ValueError("AC scans are single-component")
                ci = scomps[0]
                bys, bxs = comps[ci][4], comps[ci][5]
                # component-own grid for non-interleaved AC scans
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                cw = -(-W * comps[ci][1] // hmax)
                chh = -(-H * comps[ci][2] // vmax)
                nbx, nby = -(-cw // 8), -(-chh // 8)
                ac_t = htables[(1, tsel[ci][1])]
                blocks = [coefs[ci][by, bx]
                          for by in range(nby) for bx in range(nbx)]
                eob_run = 0
                if restart_interval:
                    fn = _prog_ac_first if ah == 0 else _prog_ac_refine
                    for i0 in range(0, len(blocks), restart_interval):
                        if i0:
                            r.restart()
                        eob_run = fn(r, blocks[i0:i0 + restart_interval],
                                     ac_t, ss, se, al, 0)
                elif ah == 0:
                    _prog_ac_first(r, blocks, ac_t, ss, se, al, 0)
                else:
                    _prog_ac_refine(r, blocks, ac_t, ss, se, al, 0)
            pos = r.pos
        # other markers (APPn, COM): skipped by the generic ln walk
    if H is None:
        raise ValueError("no SOF2 frame")
    M = _dct_mat()
    zz_y, zz_x = _ZZ[:, 0], _ZZ[:, 1]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    single = len(comps) == 1
    out, samplings = [], []
    for (cid, h, v, qsel, bys, bxs), cf in zip(comps, coefs):
        q = qtables[qsel].astype(np.float64)
        mat = np.zeros((bys, bxs, 8, 8), dtype=np.float64)
        mat[:, :, zz_y, zz_x] = cf * q[zz_y, zz_x]
        blks = np.einsum("ij,abjk,kl->abil", M.T, mat, M) + 128.0
        plane = blks.transpose(0, 2, 1, 3).reshape(bys * 8, bxs * 8)
        ch = H if single else -(-H * v // vmax)
        cw = W if single else -(-W * h // hmax)
        out.append(np.clip(np.rint(plane[:ch, :cw]), 0, 255)
                   .astype(np.uint8))
        samplings.append((h, v))
    return out, (H, W), samplings


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a JPEG: grayscale to (H, W) uint8, 3-component YCbCr to
    (H, W, 3) uint8 RGB (JFIF transform, nearest-neighbor chroma
    upsampling).  Handles baseline (SOF0/1) AND progressive (SOF2,
    Huffman: spectral selection, successive approximation, EOB runs),
    4:2:0 / 4:2:2 / 4:4:4 sampling, restart intervals and non-8-aligned
    dims; rejects arithmetic coding and lossless/extended SOFs."""
    planes, (H, W), samplings = decode_jpeg_planes(payload)
    if len(planes) == 1:
        return planes[0]
    hmax = max(h for h, _ in samplings)
    vmax = max(v for _, v in samplings)
    full = []
    for p, (h, v) in zip(planes, samplings):
        up = np.repeat(np.repeat(p, vmax // v, axis=0),
                       hmax // h, axis=1)
        full.append(up[:H, :W].astype(np.float64))
    return ycbcr_to_rgb(np.stack(full, axis=-1))


def jpeg_unit_features(payload: bytes, mime: str) -> np.ndarray:
    """Registered-decoder adapter: decode the JPEG and reduce to the
    unit-normalized intensity histogram every decoder in this module
    produces."""
    px = decode_jpeg(payload).reshape(-1).astype(np.int64)
    hist = np.bincount((px * FEATURE_DIM) // 256,
                       minlength=FEATURE_DIM)[:FEATURE_DIM] \
        .astype(np.float64)
    n = np.linalg.norm(hist)
    return (hist / n if n > 0 else hist).astype(np.float32)


def jpeg_pixel_stats(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Integer pixel statistics through the REAL JPEG decode (marker
    walk, stream-carried Huffman tables, dequantize + IDCT),
    Arrow-batched: (media_id, width, height, sum_all, n_bright,
    pos_checksum) — position-weighted so zigzag/Huffman/DCT mistakes
    break the hash even when permutation-invariant sums agree."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_all", T.LongType()),
        T.StructField("n_bright", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                px = decode_jpeg(bytes(p))
                h, w = px.shape
                flat = px.reshape(-1).astype(np.int64)
                idx = idx_cache.get(flat.size)
                if idx is None:
                    idx = np.arange(flat.size, dtype=np.int64)
                    idx_cache[flat.size] = idx
                rows.append((int(mid), w, h, int(flat.sum()),
                             int((flat >= 128).sum()),
                             int((idx * flat).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "sum_all",
                "n_bright", "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def jpeg_plane_stats(df: DataFrame, payload_col: str = "payload",
                     id_col: str = "media_id") -> DataFrame:
    """Integer per-plane statistics through the REAL color JPEG decode
    (interleaved MCU scan, per-component quant/Huffman selection,
    chroma subsampling, restart markers), Arrow-batched over
    :func:`decode_jpeg_planes` — the planes BEFORE upsampling/color
    transform, where block-constant even values decode exactly.
    (media_id, width, height, n_comp, y_sum, y_pos_checksum, cb_sum,
    cb_pos_checksum, cr_sum): position-weighted checksums on Y and Cb
    pin the MCU block order and the luma/chroma interleave."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_comp", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
        T.StructField("y_pos_checksum", T.LongType()),
        T.StructField("cb_sum", T.LongType()),
        T.StructField("cb_pos_checksum", T.LongType()),
        T.StructField("cr_sum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        def possum(plane):
            flat = plane.reshape(-1).astype(np.int64)
            idx = idx_cache.get(flat.size)
            if idx is None:
                idx = np.arange(flat.size, dtype=np.int64)
                idx_cache[flat.size] = idx
            return int((idx * flat).sum())
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                planes, (h, w), _samp = decode_jpeg_planes(bytes(p))
                y = planes[0].astype(np.int64)
                cb = planes[1].astype(np.int64) if len(planes) > 1 \
                    else np.zeros((0,), np.int64)
                cr = planes[2].astype(np.int64) if len(planes) > 2 \
                    else np.zeros((0,), np.int64)
                rows.append((int(mid), w, h, len(planes),
                             int(y.sum()), possum(y),
                             int(cb.sum()), possum(cb),
                             int(cr.sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "width", "height", "n_comp", "y_sum",
                "y_pos_checksum", "cb_sum", "cb_pos_checksum",
                "cr_sum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real codec #5: MJPEG-in-AVI video container (pure stdlib struct)
# ---------------------------------------------------------------------------
#
# The brief's video axis ("frame-sample") was fake-decoded through round 6
# because MP4/H.264 needs external libs.  Motion-JPEG in a RIFF/AVI
# container needs neither: the container is plain chunk arithmetic and the
# per-frame payloads are baseline JPEGs this repo already decodes for real
# (decode_jpeg above).  Scope: single 'vids' stream, 'MJPG' fourcc,
# '00dc'/'00db' frame chunks, idx1 index — the layout every MJPEG-writing
# camera/ffmpeg emits.  A foreign MJPEG AVI therefore decodes for real;
# the deterministic fake stays only for true MP4 payloads.

_AVIF_HASINDEX = 0x00000010
_AVIIF_KEYFRAME = 0x00000010


def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    return fourcc + _struct.pack("<I", len(body)) + body + (
        b"\x00" if len(body) & 1 else b"")


def _riff_list(listtype: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", listtype + body)


def encode_avi_mjpeg(frames: list, fps: int = 10) -> bytes:
    """JPEG frame payloads → RIFF/AVI bytes (MJPG vids stream + idx1).

    ``frames`` is a non-empty list of baseline-JPEG byte strings; the
    frame dimensions are read from the first frame's SOF so the AVI
    headers agree with the actual stream (a real muxer's obligation)."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    _, (h, w), _ = decode_jpeg_planes(bytes(frames[0]))
    n = len(frames)
    avih = _struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,          # dwMicroSecPerFrame
        sum(len(f) for f in frames) * fps // max(n, 1),  # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        _AVIF_HASINDEX,            # dwFlags
        n,                         # dwTotalFrames
        0, 1,                      # dwInitialFrames, dwStreams
        max(len(f) for f in frames),   # dwSuggestedBufferSize
        w, h, 0, 0, 0, 0)          # dwWidth, dwHeight, dwReserved[4]
    strh = (b"vids" + b"MJPG"
            + _struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                           1, fps,            # dwScale / dwRate
                           0, n,              # dwStart / dwLength
                           max(len(f) for f in frames),
                           0xFFFFFFFF, 0, 0)  # quality, sampleSize, rcFrame
            + _struct.pack("<HH", w, h))
    strf = _struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                        w * h * 3, 0, 0, 0, 0)
    hdrl = _riff_list(b"hdrl",
                      _riff_chunk(b"avih", avih)
                      + _riff_list(b"strl",
                                   _riff_chunk(b"strh", strh)
                                   + _riff_chunk(b"strf", strf)))
    movi_body = b"movi"
    offsets = []
    for f in frames:
        offsets.append(len(movi_body))   # offset of the ckid, from 'movi'
        movi_body += _riff_chunk(b"00dc", bytes(f))
    movi = _riff_chunk(b"LIST", movi_body)
    idx1 = b"".join(
        b"00dc" + _struct.pack("<III", _AVIIF_KEYFRAME, off, len(f))
        for off, f in zip(offsets, frames))
    riff_body = b"AVI " + hdrl + movi + _riff_chunk(b"idx1", idx1)
    return b"RIFF" + _struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_frames(payload: bytes):
    """RIFF/AVI bytes → ((fps, n_frames, width, height), [jpeg_bytes]).

    Walks the RIFF tree like a real demuxer: reads avih for the header
    dims/frame count, collects '??dc'/'??db' chunk bodies from the movi
    list in stream order.  Tolerates extra chunks (JUNK, INFO, vprp) and
    ignores idx1 — stream order is authoritative, as for a player that
    must handle index-less files."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    meta = {"fps": 0, "n_frames": 0, "width": 0, "height": 0}
    frames: list = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = buf[pos:pos + 4]
            ln = _struct.unpack_from("<I", buf, pos + 4)[0]
            body_start = pos + 8
            body_end = min(body_start + ln, end)
            if cid == b"LIST":
                walk(buf, body_start + 4, body_end)
            elif cid == b"avih" and ln >= 40:
                (usec, _mbps, _pad, _flags, total, _init, _streams,
                 _buf, w, h) = _struct.unpack_from("<IIIIIIIIII",
                                                   buf, body_start)
                meta.update(fps=(1_000_000 // usec if usec else 0),
                            n_frames=total, width=w, height=h)
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(buf[body_start:body_end])
            pos = body_start + ln + (ln & 1)

    walk(payload, 12, len(payload))
    if not frames:
        raise ValueError("AVI contains no video frame chunks")
    return (meta["fps"], meta["n_frames"], meta["width"],
            meta["height"]), frames


def video_frame_stats(df: DataFrame, every_n: int = 1,
                      payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Frame-sampled integer pixel stats through the REAL video path:
    AVI demux → take every ``every_n``-th frame → real JPEG decode →
    (media_id, frame_idx, n_frames, width, height, sum_px,
    pos_checksum), one row per SAMPLED frame.  The container header and
    the per-frame codec are both on the oracled path (n_frames/dims
    from avih, pixel sums from the decoded plane); pos_checksum pins
    the scanline layout per frame."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_px", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                (fps, n_frames, aw, ah), frames = decode_avi_frames(
                    bytes(p))
                for fi in range(0, len(frames), every_n):
                    px = decode_jpeg(frames[fi])
                    h, w = px.shape[:2]
                    flat = px.reshape(-1).astype(np.int64)
                    idx = idx_cache.get(flat.size)
                    if idx is None:
                        idx = np.arange(flat.size, dtype=np.int64)
                        idx_cache[flat.size] = idx
                    rows.append((int(mid), fi, n_frames, w, h,
                                 int(flat.sum()),
                                 int((idx * flat).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_idx", "n_frames", "width", "height",
                "sum_px", "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real audio DSP: spectrogram features over the real WAV decode
# ---------------------------------------------------------------------------
#
# The audio axis's "feature-extract" step, for real: framed power
# spectrogram via numpy rFFT (no external DSP libs).  The oracled query
# uses integer square waves — dominant-bin, energy and zero-crossing
# closed forms involve NO transcendentals, so Spark and DuckDB agree
# bit-exactly while the actual FFT runs on the Spark side.


def spectrogram(samples: np.ndarray, n_fft: int = 256,
                hop: int = 128) -> np.ndarray:
    """int16[n] PCM → float64[n_frames, n_fft//2 + 1] power spectrogram
    (rectangular window; frames that would run past the end are
    dropped, the standard 'center=False' convention)."""
    s = np.asarray(samples, dtype=np.float64).reshape(-1)
    if s.size < n_fft:
        return np.zeros((0, n_fft // 2 + 1))
    n_frames = 1 + (s.size - n_fft) // hop
    idx = (np.arange(n_fft)[None, :]
           + hop * np.arange(n_frames)[:, None])
    spec = np.fft.rfft(s[idx], axis=1)
    return (spec.real ** 2 + spec.imag ** 2)


def band_energies(samples: np.ndarray, n_fft: int = 256,
                  hop: int = 128, n_bands: int = FEATURE_DIM) -> np.ndarray:
    """int16[n] PCM → float32[n_bands] log-power band profile: the
    spectrogram averaged over time, bins folded into n_bands equal
    groups — the fixed-width feature vector the similarity operators
    join on (same contract as extract_features)."""
    spec = spectrogram(samples, n_fft, hop)
    if spec.shape[0] == 0:
        return np.zeros(n_bands, dtype=np.float32)
    prof = spec.mean(axis=0)[1:]          # drop DC
    edges = np.linspace(0, prof.size, n_bands + 1).astype(int)
    out = np.array([prof[a:b].mean() if b > a else 0.0
                    for a, b in zip(edges[:-1], edges[1:])])
    return np.log1p(out).astype(np.float32)


def audio_spectrum_stats(df: DataFrame, n_fft: int = 2048,
                         payload_col: str = "payload",
                         id_col: str = "media_id") -> DataFrame:
    """Integer spectral stats through the REAL WAV decode + rFFT,
    Arrow-batched: (media_id, rate, n_samples, dominant_bin, energy,
    zero_crossings).  dominant_bin is the argmax of the power spectrum
    over bins 1..n_fft/2 of the first n_fft samples — for the oracled
    square-wave corpus that lands exactly on the fundamental n_fft/p
    with a 9.5 dB margin over the 3rd harmonic, so the float FFT's
    verdict is stable; energy and zero_crossings are exact int64."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("dominant_bin", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                rate, s = decode_wav(bytes(p))
                s = s.reshape(-1)
                head = s[:n_fft].astype(np.float64)
                spec = np.fft.rfft(head)
                power = spec.real ** 2 + spec.imag ** 2
                dom = int(np.argmax(power[1:])) + 1 if power.size > 1 else 0
                s64 = s.astype(np.int64)
                signs = np.sign(s64)
                nz = signs[signs != 0]
                zc = int((nz[1:] != nz[:-1]).sum()) if nz.size else 0
                rows.append((int(mid), rate, s.size, dom,
                             int((s64 * s64).sum()), zc))
            yield pd.DataFrame(rows, columns=[
                "media_id", "rate", "n_samples", "dominant_bin",
                "energy", "zero_crossings"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Perceptual image hashing (pHash) + banded hamming near-dup
# ---------------------------------------------------------------------------
#
# The image half of corpus dedup: a 63-bit DCT perceptual hash (classic
# pHash: mean-pool to 32x32, 2D orthonormal DCT-II, sign-vs-median of the
# top-left 8x8 minus DC) computed through the REAL decoders above, then
# the SAME banded candidate shape as MinHash-LSH over text
# (dedup._lsh_candidates): only (doc_id, band, key) crosses the shuffle,
# buckets are capped, and candidates are verified by exact hamming
# distance JVM-side (bit_count(xor)).  Pixels never leave the map side.

_PHASH_N = 32


def _dct_mat_n(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
    m[0] *= np.sqrt(1.0 / n)
    m[1:] *= np.sqrt(2.0 / n)
    return m


_PHASH_DCT = _dct_mat_n(_PHASH_N)


def phash64(gray: np.ndarray) -> int:
    """uint8[h, w] grayscale → 63-bit perceptual hash (int, sign bit 0).

    Mean-pool (area) resize to 32x32 when the image is at least that
    big, nearest-index mapping below; orthonormal 2D DCT-II; bit i set
    iff the i-th of the 63 non-DC top-left-8x8 coefficients (row-major)
    exceeds their median.  Deterministic for identical pixels; robust to
    the perturbations the unit tests pin (brightness shift, mild noise,
    JPEG re-encode)."""
    g = np.asarray(gray, dtype=np.float64)
    if g.ndim == 3 and g.shape[2] == 1:              # gray with channel dim
        g = g[..., 0]
    elif g.ndim == 3:                    # RGB(A) → luma, the JFIF weights
        g = 0.299 * g[..., 0] + 0.587 * g[..., 1] + 0.114 * g[..., 2]
    h, w = g.shape
    n = _PHASH_N
    if h >= n and w >= n:
        ye = np.linspace(0, h, n + 1).astype(np.int64)
        xe = np.linspace(0, w, n + 1).astype(np.int64)
        small = np.add.reduceat(np.add.reduceat(g, ye[:-1], axis=0),
                                xe[:-1], axis=1)
        small /= np.outer(np.diff(ye), np.diff(xe))
    else:
        small = g[(np.arange(n) * h) // n][:, (np.arange(n) * w) // n]
    # ordered fold, not BLAS: most coefficients of a block-constant image
    # sit within ulps of the median, so a kernel-dependent summation order
    # would flip bits between executors with different CPUs
    d = _ordered_matmul(_ordered_matmul(_PHASH_DCT, small), _PHASH_DCT.T)
    coefs = d[:8, :8].reshape(-1)[1:]            # drop DC
    med = np.median(coefs)
    bits = coefs > med
    return int(np.packbits(
        np.concatenate([bits, [False]]).astype(np.uint8),
        bitorder="little").view("<u8")[0])


def phash_df(df: DataFrame, payload_col: str = "payload",
             mime_col: str = "mime", id_col: str = "media_id") -> DataFrame:
    """media → (media_id, phash: long) through the real decoders,
    Arrow-batched.  Payloads are sniffed like _default_decode: PNG, JPEG
    (baseline or progressive) and BMP all hash for real."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                p = bytes(p) if p is not None else b""
                if p[:8] == b"\x89PNG\r\n\x1a\n":
                    px = decode_png(p)
                elif p[:2] == b"\xff\xd8":
                    px = decode_jpeg(p)
                elif p[:2] == b"BM":
                    px = decode_bmp(p)
                else:
                    raise ValueError("phash_df: unsupported payload")
                rows.append((int(mid), phash64(px)))
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


def phash_neardup_pairs(hashes: DataFrame, max_hamming: int = 3,
                        max_bucket: int = 512,
                        id_col: str = "media_id",
                        hash_col: str = "phash") -> DataFrame:
    """(id_a < id_b, hamming) image near-dup pairs from a 63-bit pHash
    column: four 16-bit bands bucket the candidates (pigeonhole — any
    pair within hamming ≤ 3 of 64 bits shares at least one exact band
    when 4 bands are used), each (band, key) bucket capped to its first
    ``max_bucket`` ids, then exact hamming verification JVM-side via
    bit_count(xor).  Only (id, band, key) crosses the shuffle; the
    hashes rejoin by id for the verify step — same 100-TB shape as
    minhash_lsh_pairs."""
    from pyspark.sql.window import Window

    if max_hamming >= 4:
        raise ValueError("4 bands guarantee recall only for hamming <= 3")
    h = hashes.select(F.col(id_col).alias("doc_id"),
                      F.col(hash_col).alias("phash"))
    banded = h.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     (F.shiftrightunsigned(F.col("phash"), 16 * b)
                      .bitwiseAND(F.lit(0xFFFF))).alias("key"))
            for b in range(4)
        ])).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    w = Window.partitionBy("band", "key").orderBy("doc_id")
    banded = (banded.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= max_bucket).drop("__rn"))
    cands = (banded.alias("l")
             .join(banded.alias("r"), ["band", "key"])
             .where(F.col("l.doc_id") < F.col("r.doc_id"))
             .select(F.col("l.doc_id").alias("id_a"),
                     F.col("r.doc_id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ha = h.select(F.col("doc_id").alias("id_a"),
                  F.col("phash").alias("__ha"))
    hb = h.select(F.col("doc_id").alias("id_b"),
                  F.col("phash").alias("__hb"))
    return (cands.join(ha, "id_a").join(hb, "id_b")
            .withColumn("hamming", F.bit_count(
                F.col("__ha").bitwiseXOR(F.col("__hb"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# Real codec #6: GIF (pure Python LZW — no image libraries)
# ---------------------------------------------------------------------------
#
# GIF87a/89a: logical screen + global/local color tables, variable-width
# LZW, 4-pass interlacing, GIF89a graphic-control extensions
# (transparency, frame delays, disposal) — the full static subset plus
# animation frame extraction, validated against OS-shipped GIFs from
# foreign encoders like the PNG/JPEG codecs.  The encoder emits a real
# compressed LZW stream (dictionary resets on overflow), so round-trips
# exercise both directions of the bit-level format.


def _lzw_decode(data: bytes, min_code_size: int) -> list:
    """GIF LZW: variable-width codes, clear/end codes, 12-bit cap."""
    clear = 1 << min_code_size
    end = clear + 1
    dict_base = [(i,) for i in range(clear)] + [None, None]
    table = list(dict_base)
    width = min_code_size + 1
    out: list = []
    prev = None
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while pos < n or nbits >= width:
        if nbits < width:
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
            continue
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(dict_base)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + (entry[0],))
        elif code == len(table):
            entry = prev + (prev[0],)
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError("corrupt LZW stream")
        out.extend(entry)
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    return out


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF LZW encoder: emits CLEAR up front and on dictionary overflow
    (the standard reset strategy every decoder handles)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    put(clear, width)
    buf: tuple = ()
    for sym in indices:
        cand = buf + (int(sym),)
        if cand in table:
            buf = cand
            continue
        put(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            put(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        buf = (int(sym),)
    if buf:
        put(table[buf], width)
    put(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def encode_gif(frames, palette: np.ndarray, delays=None,
               transparent: int = -1) -> bytes:
    """Indexed frames → GIF bytes.

    ``frames``: one uint8[h, w] index array or a list of them (equal
    dims; >1 frame emits a GIF89a animation with per-frame delays in
    centiseconds, default 10).  ``palette``: uint8[n, 3] RGB, n ≤ 256.
    ``transparent`` ≥ 0 marks that palette index transparent in every
    frame's graphic-control extension."""
    if isinstance(frames, np.ndarray) and frames.ndim == 2:
        frames = [frames]
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or pal.shape[0] > 256:
        raise ValueError("palette must be uint8[n<=256, 3]")
    n_pal = pal.shape[0]
    pal_bits = max(1, (n_pal - 1).bit_length())
    h, w = frames[0].shape
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HH", w, h)
    out += bytes([0x80 | ((pal_bits - 1) & 7), 0, 0])   # GCT flag + size
    table = np.zeros((1 << pal_bits, 3), dtype=np.uint8)
    table[:n_pal] = pal
    out += table.tobytes()
    delays = list(delays) if delays is not None else [10] * len(frames)
    animated = len(frames) > 1
    if animated:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    for fi, fr in enumerate(frames):
        fr = np.asarray(fr, dtype=np.uint8)
        if fr.shape != (h, w):
            raise ValueError("all frames need identical dims")
        if int(fr.max(initial=0)) >= n_pal:
            raise ValueError("frame index outside palette")
        if animated or transparent >= 0:
            flags = 0x01 if transparent >= 0 else 0x00
            out += (b"\x21\xf9\x04"
                    + bytes([flags])
                    + _struct.pack("<H", delays[fi] if animated else 0)
                    + bytes([transparent if transparent >= 0 else 0, 0]))
        out += b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        min_code = max(2, pal_bits)
        out += bytes([min_code])
        stream = _lzw_encode(fr.reshape(-1).tolist(), min_code)
        for i in range(0, len(stream), 255):
            chunk = stream[i:i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif(payload: bytes):
    """GIF bytes → (uint8[n_frames, h, w, 3] RGB, delays_cs list).

    Full static + animation subset: global/local color tables,
    interlacing, GIF89a graphic control (transparency composes over
    the previous frame; disposal 2 restores background).  Frames are
    returned fully composed at logical-screen size."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = _struct.unpack_from("<HH", payload, 6)
    packed, bg_idx, _aspect = payload[10], payload[11], payload[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frames = []
    delays = []
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg_idx < gct.shape[0]:
        canvas[:] = gct[bg_idx]
    transparent = -1
    delay = 0
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:                      # trailer
            break
        if block == 0x21:                      # extension
            label = payload[pos]
            pos += 1
            subs = []
            while payload[pos]:
                ln = payload[pos]
                subs.append(payload[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and subs:
                gce = subs[0]
                disposal = (gce[0] >> 2) & 7
                delay = _struct.unpack_from("<H", gce, 1)[0]
                transparent = gce[3] if gce[0] & 1 else -1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        il, it, iw, ih = _struct.unpack_from("<HHHH", payload, pos)
        ipacked = payload[pos + 8]
        pos += 9
        lct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 7)
            lct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if lct is None:
            raise ValueError("GIF image without any color table")
        min_code = payload[pos]
        pos += 1
        stream = bytearray()
        while payload[pos]:
            ln = payload[pos]
            stream += payload[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = np.array(_lzw_decode(bytes(stream), min_code),
                       dtype=np.int64)[:iw * ih].reshape(ih, iw)
        if ipacked & 0x40:                     # interlaced
            de = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                rows = range(start, ih, step)
                for r in rows:
                    de[r] = idx[src]
                    src += 1
            idx = de
        prev = canvas.copy()
        region = canvas[it:it + ih, il:il + iw]
        rgb = lct[np.clip(idx, 0, lct.shape[0] - 1)]
        if transparent >= 0:
            mask = (idx != transparent)[..., None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        frames.append(canvas.copy())
        delays.append(delay)
        if disposal == 2:                      # restore to background
            bg = (gct[bg_idx] if gct is not None
                  and bg_idx < gct.shape[0] else 0)
            canvas[it:it + ih, il:il + iw] = bg
        elif disposal == 3:                    # restore to previous
            canvas = prev
        transparent = -1
        delay = 0
        disposal = 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return np.stack(frames), delays


def gif_frame_stats(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id") -> DataFrame:
    """Integer per-frame RGB statistics through the REAL GIF decode
    (LZW, color tables, graphic-control delays), Arrow-batched: one row
    per frame — (media_id, frame_idx, n_frames, width, height,
    delay_cs, r_sum, g_sum, b_sum, pos_checksum) with the
    position-weighted checksum over the flat (y, x, c) RGB layout, the
    discipline every codec surface here shares."""
    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("delay_cs", T.LongType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
        T.StructField("pos_checksum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx_cache: dict = {}
        for b in batches:
            rows = []
            for mid, p in zip(b[id_col], b[payload_col]):
                frames, delays = decode_gif(bytes(p))
                n, h, w, _ = frames.shape
                for fi in range(n):
                    fr = frames[fi].astype(np.int64)
                    flat = fr.reshape(-1)
                    idx = idx_cache.get(flat.size)
                    if idx is None:
                        idx = np.arange(flat.size, dtype=np.int64)
                        idx_cache[flat.size] = idx
                    rows.append((int(mid), fi, n, w, h,
                                 int(delays[fi]),
                                 int(fr[..., 0].sum()),
                                 int(fr[..., 1].sum()),
                                 int(fr[..., 2].sum()),
                                 int((idx * flat).sum())))
            yield pd.DataFrame(rows, columns=[
                "media_id", "frame_idx", "n_frames", "width", "height",
                "delay_cs", "r_sum", "g_sum", "b_sum", "pos_checksum"])

    return df.select(id_col, payload_col).mapInPandas(run, out_schema)


# ---------------------------------------------------------------------------
# Real image resize (area downsample / nearest upsample, pure numpy)
# ---------------------------------------------------------------------------
#
# With every common crawl image format decodable for real above, the
# default resize path no longer needs the fake: sniff the payload,
# decode, resample, re-encode as (lossless) PNG.  The fake remains only
# for payloads no real reader could parse — mirroring _default_decode.


def resize_image(px: np.ndarray, w: int, h: int) -> np.ndarray:
    """uint8[h0, w0(, c)] → uint8[h, w(, c)]: per-axis area mean-pool
    when shrinking (linspace edges, the pHash discipline), nearest
    index mapping when growing.  Means over constant regions are exact
    integers — the property the closed-form oracle relies on."""
    g = np.asarray(px, dtype=np.float64)
    squeeze = g.ndim == 2
    if squeeze:
        g = g[..., None]

    def one_axis(a: np.ndarray, out: int, axis: int) -> np.ndarray:
        n = a.shape[axis]
        if out == n:
            return a
        if out < n:
            edges = np.linspace(0, n, out + 1).astype(np.int64)
            s = np.add.reduceat(a, edges[:-1], axis=axis)
            shape = [1, 1, 1]
            shape[axis] = out
            return s / np.diff(edges).reshape(shape)
        return np.take(a, (np.arange(out) * n) // out, axis=axis)

    g = one_axis(one_axis(g, h, 0), w, 1)
    g = np.rint(g).clip(0, 255).astype(np.uint8)
    return g[..., 0] if squeeze else g


def _default_resize(payload: bytes, mime: str, w: int, h: int) -> bytes:
    """Signature-sniffing REAL resize: PNG/JPEG/BMP payloads decode,
    resample and re-encode as PNG (lossless, any dims); anything else
    falls back to the deterministic fake, like _default_decode."""
    p = payload or b""
    try:
        if p[:8] == b"\x89PNG\r\n\x1a\n":
            px = decode_png(p)
        elif p[:2] == b"\xff\xd8":
            px = decode_jpeg(p)
        elif p[:2] == b"BM":
            px = decode_bmp(p)
        else:
            return _fake_resize(p, mime, w, h)
    except ValueError:
        return _fake_resize(p, mime, w, h)
    return encode_png(resize_image(px, w, h))
